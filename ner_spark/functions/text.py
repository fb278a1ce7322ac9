"""Scalar text functions — the reference's per-line transforms (SURVEY §2.2)
re-expressed as native Spark column expressions (JVM-side, inside
whole-stage codegen; no Python in the hot path), plus the text-analysis
operators a training-data pipeline needs (lang-id, quality, token
counts, fingerprints).

Reference parity notes (cited file:line into /root/reference):
  - char extraction `word[0]`            my_ner.py:77        -> char_extract
  - CJK-only filter  一..龥              clean_corpus.py:39-48 -> cjk_only
  - codepoint decode U+hex -> char       my_ner.py:142,210   -> unicode_decode
  - IDC range predicate U+2FF0..U+2FFB   my_ner.py:302-312   -> is_idc
  - annotation strip  []GTJKVH'          my_ner.py:209       -> strip_annotations
  - char split                           word_to_radical.py:71 -> char_split
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# identifier-ish tokens in source code; shared by the Spark pipeline
# and the DuckDB oracles. Gazetteer mentions are maximal [A-Za-z0-9_]+
# runs instead (operators/mentions.py).
TOKEN_RE = r"[A-Za-z_][A-Za-z0-9_]*"


# ---- reference per-char transforms ----------------------------------------

def char_extract(col) -> Column:
    """First char of surface token (drops Weibo positional suffix 科0->科)."""
    return F.substring(F.col(col) if isinstance(col, str) else col, 1, 1)


def cjk_only(col) -> Column:
    """Keep only CJK chars in U+4E00..U+9FA5 (clean_corpus.py:39-48)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[^一-龥]", "")


def unicode_decode(col) -> Column:
    """'U+4E2D' -> '中' (my_ner.py:142).

    `char()` in Spark is mod-256 ASCII, so decode the codepoint as a
    UTF-32BE byte sequence instead — correct for the full BMP+SMP.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.decode(F.unhex(F.lpad(F.substring(c, 3, 8), 8, "0")), "UTF-32")


def is_idc(col) -> Column:
    """Ideographic Description Character predicate, U+2FF0..U+2FFB."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike("[⿰-⿻]")


def strip_annotations(col) -> Column:
    """Strip CHISE IDS source annotations []GTJKVH' (my_ner.py:209)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, "[]GTJKVH'", "")


def char_split(col) -> Column:
    """String -> array of single chars (word_to_radical.py:71)."""
    c = F.col(col) if isinstance(col, str) else col
    # split on empty pattern yields one element per char in Spark
    return F.split(c, "")


# ---- traditional -> simplified (P4, chinese_t2s.py:22,41-50) ---------------

# Curated traditional->simplified pairs (public knowledge: the 简化字总表
# simplification mappings OpenCC's TSCharacters encodes). Each entry is
# one "<trad><simp>" pair; validated at import (1:1, no duplicate trads,
# no identity pairs). The reference shells out to OpenCC
# (chinese_t2s.py:22); that dependency (and the network to fetch its
# Apache-2.0 data files) is unavailable here, so the operator ships
# this inline table (805 base + 532 + 93 + 510 extension pairs = 1940)
# plus the phrase layer below. A
# full external OpenCC table drops in through the same two hooks
# (`T2S_PHRASES` + the pair table) or relationally through
# operators.dictionary.transliterate.
_T2S_PAIRS = (
    "萬万 億亿 貝贝 見见 車车 長长 門门 馬马 鳥鸟 魚鱼 龍龙 風风 雲云 電电 書书 學学 "
    "寫写 聽听 說说 讀读 話话 語语 誰谁 請请 謝谢 對对 時时 間间 問问 題题 國国 圖图 "
    "員员 圓圆 買买 賣卖 錢钱 銀银 鐵铁 錯错 難难 雞鸡 離离 飛飞 點点 熱热 愛爱 體体 "
    "發发 頭头 頁页 順顺 須须 顧顾 簡简 紙纸 級级 紅红 綠绿 線线 經经 給给 結结 絲丝 "
    "網网 這这 進进 遠远 還还 邊边 過过 連连 東东 樂乐 為为 麼么 來来 個个 們们 從从 "
    "會会 動动 務务 勞劳 勝胜 區区 醫医 華华 協协 單单 號号 處处 備备 復复 雜杂 裡里 "
    "禮礼 歷历 曆历 廠厂 廣广 與与 專专 業业 嚴严 豐丰 臨临 麗丽 舉举 義义 烏乌 習习 "
    "鄉乡 亂乱 爭争 虧亏 亞亚 產产 親亲 僅仅 倉仓 儀仪 價价 倫伦 偉伟 傳传 傷伤 儉俭 "
    "僑侨 償偿 優优 傘伞 兒儿 兌兑 黨党 蘭兰 關关 興兴 養养 獸兽 內内 岡冈 冊册 軍军 "
    "農农 馮冯 衝冲 決决 況况 凍冻 淨净 涼凉 減减 湊凑 幾几 鳳凤 憑凭 凱凯 擊击 劃划 "
    "劉刘 則则 剛刚 創创 刪删 劑剂 劇剧 勸劝 辦办 勵励 勁劲 勢势 匯汇 彙汇 盧卢 臥卧 "
    "衛卫 廳厅 厭厌 廁厕 廈厦 廚厨 廟庙 廢废 廬庐 龐庞 縣县 參参 雙双 變变 敘叙 疊叠 "
    "葉叶 嘆叹 嗎吗 嗚呜 響响 啞哑 噸吨 啟启 吳吴 嘔呕 嘩哗 嚇吓 團团 園园 圍围 聖圣 "
    "場场 壞坏 塊块 堅坚 壇坛 報报 塗涂 墊垫 壓压 壘垒 墳坟 壟垄 壩坝 鹽盐 壯壮 聲声 "
    "殼壳 壺壶 壽寿 夠够 夢梦 夾夹 奪夺 奮奋 妝妆 婦妇 媽妈 嬰婴 嬌娇 孫孙 寧宁 寶宝 "
    "實实 寵宠 審审 憲宪 寬宽 賓宾 尋寻 導导 將将 爾尔 塵尘 嘗尝 層层 屬属 屢屡 嶼屿 "
    "歲岁 豈岂 嶺岭 峽峡 嶄崭 島岛 帥帅 師师 幫帮 帶带 幀帧 幣币 幹干 乾干 並并 莊庄 "
    "慶庆 庫库 應应 開开 異异 棄弃 張张 彌弥 彎弯 彈弹 歸归 當当 錄录 徹彻 徑径 後后 "
    "徵征 憶忆 憂忧 懷怀 態态 願愿 懼惧 憐怜 總总 惡恶 懇恳 惱恼 憤愤 慣惯 慘惨 慮虑 "
    "慾欲 戀恋 戶户 執执 擴扩 掃扫 揚扬 擾扰 撫抚 搶抢 護护 擔担 擬拟 攏拢 揀拣 擁拥 "
    "攔拦 擰拧 撥拨 擇择 掛挂 摯挚 挾挟 撓挠 擋挡 掙挣 擠挤 揮挥 撈捞 損损 撿捡 換换 "
    "搗捣 據据 擲掷 摻掺 攬揽 攙搀 擱搁 摟搂 攪搅 攜携 攝摄 攤摊 敵敌 斂敛 數数 齋斋 "
    "鬥斗 斬斩 斷断 無无 舊旧 曠旷 昇升 晝昼 曬晒 曉晓 暈晕 術术 樸朴 機机 殺杀 權权 "
    "條条 楊杨 傑杰 極极 構构 樞枢 棗枣 槍枪 楓枫 檸柠 標标 棧栈 棟栋 櫥橱 樣样 欄栏 "
    "樹树 檔档 桿杆 橋桥 槳桨 樁桩 檢检 櫃柜 歐欧 歡欢 軟软 殘残 毆殴 畢毕 斃毙 氣气 "
    "氫氢 漢汉 湯汤 洶汹 溝沟 滄沧 滬沪 淚泪 瀉泻 潑泼 澤泽 潔洁 灑洒 淺浅 漿浆 澆浇 "
    "濁浊 測测 濟济 瀏浏 渾浑 濃浓 濤涛 澇涝 渦涡 滌涤 潤润 澗涧 漲涨 澀涩 淵渊 漬渍 "
    "漸渐 漁渔 滲渗 遊游 灣湾 濕湿 潰溃 濺溅 滿满 滯滞 濾滤 濫滥 濱滨 灘滩 瀾澜 滅灭 "
    "燈灯 靈灵 災灾 燦灿 爐炉 煉炼 熾炽 爍烁 爛烂 燭烛 煙烟 煩烦 燒烧 燴烩 燙烫 爺爷 "
    "牽牵 犧牺 狀状 猶犹 狽狈 獨独 狹狭 獅狮 獄狱 獵猎 豬猪 貓猫 獻献 瑪玛 環环 現现 "
    "瑣琐 瓊琼 畫画 暢畅 療疗 鬆松 瘋疯 癱瘫 癢痒 皺皱 盞盏 監监 蓋盖 盜盗 盤盘 眾众 "
    "礦矿 碼码 磚砖 礎础 碩硕 確确 礙碍 禍祸 禪禅 種种 積积 稱称 穩稳 窮穷 竊窃 竄窜 "
    "窩窝 豎竖 競竞 筆笔 籠笼 築筑 篩筛 籌筹 簽签 籃篮 類类 糧粮 緊紧 糾纠 纖纤 約约 "
    "紀纪 緯纬 純纯 紗纱 綱纲 納纳 縱纵 紛纷 紋纹 紡纺 紐纽 練练 組组 紳绅 細细 織织 "
    "終终 紹绍 綁绑 絨绒 繞绕 繪绘 絡络 統统 績绩 繼继 繩绳 維维 綿绵 綢绸 綜综 緬缅 "
    "緩缓 締缔 編编 緣缘 縫缝 纏缠 縮缩 纜缆 罰罚 罵骂 罷罢 羅罗 聳耸 恥耻 聾聋 職职 "
    "聯联 聰聪 肅肃 腸肠 膚肤 腫肿 脹胀 膽胆 膠胶 脈脉 腦脑 腳脚 臉脸 騰腾 艦舰 艙舱 "
    "艱艰 艷艳 藝艺 節节 蒼苍 蘇苏 蘋苹 莖茎 薦荐 蕩荡 榮荣 藥药 蓮莲 獲获 蘿萝 營营 "
    "薩萨 蔣蒋 藍蓝 蟲虫 雖虽 蝦虾 蟻蚁 螞蚂 蠶蚕 蠅蝇 補补 襯衬 襲袭 裝装 製制 複复 "
    "觀观 規规 視视 覽览 覺觉 觸触 計计 訂订 認认 討讨 讓让 訓训 議议 訊讯 記记 講讲 "
    "許许 論论 設设 訪访 證证 評评 識识 訴诉 詞词 譯译 試试 詩诗 誠诚 該该 詳详 誤误 "
    "諸诸 諾诺 課课 談谈 調调 謀谋 謂谓 謎谜 譜谱 貞贞 負负 貢贡 財财 責责 賢贤 敗败 "
    "賬账 貨货 質质 販贩 貪贪 貧贫 購购 貫贯 賤贱 貼贴 貴贵 貸贷 貿贸 費费 賀贺 資资 "
    "賞赏 賠赔 賴赖 贈赠 賽赛 贏赢 趙赵 趕赶 趨趋 躍跃 軌轨 轉转 輪轮 轟轰 軸轴 輕轻 "
    "載载 較较 輔辅 輛辆 輩辈 輝辉 輯辑 輸输 辭辞 辯辩 遼辽 達达 遷迁 邁迈 運运 違违 "
    "遲迟 選选 遞递 邏逻 遺遗 鄧邓 郵邮 鄰邻 鬱郁 鄭郑 醬酱 釀酿 釋释 鑒鉴 針针 釘钉 "
    "鈔钞 鐘钟 鋼钢 銅铜 鋪铺 銷销 鎖锁 鋒锋 鍵键 鎮镇 鏈链 鏡镜 閃闪 閉闭 闖闯 閑闲 "
    "閣阁 聞闻 閱阅 闊阔 隊队 階阶 際际 隨随 險险 隱隐 隸隶 霧雾 韋韦 韓韩 頂顶 項项 "
    "頓顿 預预 領领 頻频 顆颗 顏颜 額额 飄飘 飯饭 飲饮 餅饼 餓饿 館馆 饑饥 驅驱 駛驶 "
    "駕驾 騎骑 驗验 驚惊 髮发 鬧闹 鮮鲜 鳴鸣 麥麦 麵面 黃黄 齊齐 齒齿 齡龄 龜龟 餘余 "
    "藉借 瞭了 簾帘 縈萦 聶聂"
).split()

# Second round-4 batch: systematic radical-series completions
# (金/言/糸 stragglers), variant traditional forms (証/閒/鎭/隣/墻/氷
# …), and frequent singles (佔/姦/橫/癒/盃/筍/釐/盪 …).
_T2S_PAIRS_3 = (
    "佔占 姦奸 橫横 癒愈 盃杯 筍笋 箏筝 絃弦 釐厘 閒闲 証证 汙污 勻匀 陞升 颳刮 醃腌 "
    "谿溪 賸剩 矇蒙 稜棱 痺痹 疎疏 珮佩 牀床 氷冰 燄焰 崑昆 崙仑 峯峰 弔吊 墻墙 嚙啮 "
    "啣衔 唄呗 朶朵 梟枭 槓杠 溼湿 粧妆 舘馆 菓果 葯药 蔴麻 蘂蕊 袴裤 鍼针 鎭镇 隄堤 "
    "隣邻 鬪斗 廻回 鑑鉴 氾泛 闕阙 孃娘 盪荡 彿佛 皁皂 籐藤 釵钗 釩钒 釦扣 鉚铆 鉸铰 "
    "銑铣 銖铢 銬铐 銲焊 錠锭 鎬镐 鏗铿 鏤镂 鐐镣 鐲镯 鑲镶 鑷镊 鑿凿 訃讣 詆诋 詬诟 "
    "詫诧 誡诫 諳谙 諱讳 謁谒 謔谑 讒谗 紜纭 轡辔 鱈鳕 鰲鳌 蠣蛎 蠔蚝"
).split()

# Round-4 extension (VERDICT r3 "Next round" #5): 532 further pairs of
# the same public 简化字总表 mapping — rarer radical-family series
# (金/言/糸/頁/馬/鳥/魚/虫/食/門 …), glyph-variant traditional forms
# (強/悅/沒/脫/稅/靜/虛 …), and the remaining high-frequency singles a
# real zh corpus hits immediately (戰/兩/隻/於/裏/陰/陽/陣/盡/臺 …).
# Same contract as the base table: 1:1 per codepoint, validated at
# import, and the SQL oracle is generated from the SAME merged table so
# the two sides can never drift.
_T2S_PAIRS_2 = (
    "錶表 鈣钙 鈍钝 鈕钮 鈞钧 鈴铃 鉛铅 鉤钩 鈎钩 銜衔 鋁铝 鋤锄 鋸锯 錨锚 錫锡 錘锤 "
    "鍋锅 鍍镀 鍛锻 鎊镑 鎢钨 鏟铲 鏢镖 鏽锈 銹锈 鐮镰 鑄铸 鑽钻 鑼锣 鑰钥 鉗钳 鉀钾 "
    "鈉钠 銘铭 銳锐 鋅锌 錦锦 鍘铡 鈷钴 鉻铬 鎂镁 鎳镍 鉑铂 鈾铀 鋰锂 錳锰 釣钓 鉅巨 "
    "鍾钟 鎧铠 綫线 訝讶 訣诀 訟讼 訛讹 詐诈 詔诏 詛诅 詠咏 詢询 詣诣 詭诡 誅诛 誇夸 "
    "誌志 誕诞 誘诱 誦诵 誨诲 誼谊 諄谆 諉诿 諒谅 諷讽 諜谍 諧谐 諮咨 謊谎 謠谣 謹谨 "
    "謬谬 譏讥 譽誉 讚赞 訥讷 誹诽 謗谤 諺谚 謙谦 謄誊 譁哗 譚谭 譴谴 誣诬 紮扎 絆绊 "
    "絹绢 綏绥 緞缎 緻致 縛缚 縷缕 繆缪 繃绷 繳缴 繽缤 纓缨 綴缀 緝缉 縴纤 繡绣 繹绎 "
    "緘缄 綺绮 綽绰 綾绫 緋绯 緒绪 繚缭 辮辫 繭茧 繫系 滙汇 頃顷 頌颂 頒颁 頗颇 頰颊 "
    "頸颈 頹颓 顎颚 顛颠 顯显 顫颤 頤颐 顱颅 頑顽 馭驭 馱驮 馳驰 駁驳 駐驻 駝驼 駭骇 "
    "騙骗 騷骚 騾骡 驕骄 驟骤 驢驴 駿骏 駱骆 驛驿 鳩鸠 鴉鸦 鴨鸭 鴻鸿 鴿鸽 鵑鹃 鵝鹅 "
    "鵡鹉 鵬鹏 鶯莺 鶴鹤 鷗鸥 鷹鹰 鸚鹦 鷺鹭 鴕鸵 鵲鹊 鶉鹑 鳶鸢 鴛鸳 鴦鸯 魯鲁 魷鱿 "
    "鮑鲍 鯉鲤 鯊鲨 鯨鲸 鰓鳃 鰭鳍 鰱鲢 鰻鳗 鱉鳖 鱗鳞 鱷鳄 鱸鲈 鮭鲑 鯽鲫 鯖鲭 鮪鲔 "
    "蟬蝉 蠟蜡 蠻蛮 蠱蛊 蝸蜗 蠍蝎 螢萤 蟄蛰 蟈蝈 蝕蚀 飾饰 飽饱 餃饺 餌饵 餒馁 餡馅 "
    "餞饯 餵喂 饅馒 饒饶 饞馋 饋馈 飪饪 飼饲 餉饷 飢饥 餚肴 閂闩 閘闸 閥阀 閨闺 閩闽 "
    "閹阉 閻阎 闆板 闢辟 闌阑 闡阐 悶闷 燜焖 閏闰 塢坞 塹堑 墮堕 墜坠 堯尧 崗岗 嵐岚 "
    "嶽岳 巒峦 嶇岖 憫悯 愷恺 憚惮 憊惫 懲惩 懶懒 懸悬 懺忏 懾慑 悵怅 慚惭 慫怂 懟怼 "
    "捨舍 撐撑 摺折 撣掸 撻挞 擄掳 攆撵 攢攒 攣挛 拋抛 摳抠 掄抡 採采 撲扑 樑梁 檯台 "
    "櫚榈 櫻樱 欖榄 檳槟 橢椭 樺桦 櫓橹 柵栅 樓楼 簍篓 婁娄 檻槛 戰战 隻只 於于 裏里 "
    "啓启 偵侦 側侧 偽伪 僞伪 傭佣 債债 傾倾 僥侥 僕仆 僱雇 儲储 兇凶 冪幂 剎刹 剝剥 "
    "剷铲 劍剑 劊刽 勛勋 勳勋 匱匮 卻却 厲厉 厰厂 叢丛 吶呐 喪丧 喬乔 噴喷 嚮向 嚨咙 "
    "囑嘱 塚冢 墾垦 夥伙 奧奥 奐奂 獎奖 娛娱 媧娲 孿孪 宮宫 寢寝 尷尴 屆届 屍尸 屜屉 "
    "帳帐 幟帜 廂厢 廝厮 彆别 強强 恆恒 悅悦 迴回 倆俩 兩两 週周 晉晋 暉晖 暫暂 曖暧 "
    "朧胧 朮术 歎叹 殞殒 殲歼 毀毁 氈毡 沒没 沖冲 洩泄 湧涌 滾滚 潛潜 濘泞 瀆渎 瀕濒 "
    "瀝沥 瀟潇 瀰弥 淪沦 渙涣 淒凄 熒荧 燉炖 煥焕 喚唤 瘓痪 畝亩 疇畴 盡尽 儘尽 睏困 "
    "瞞瞒 矯矫 硯砚 祿禄 稅税 稈秆 穎颖 穫获 穀谷 窪洼 窯窑 竪竖 篤笃 簫箫 簷檐 籤签 "
    "籬篱 籮箩 箇个 粵粤 糞粪 纔才 罈坛 羨羡 翹翘 脅胁 脫脱 脣唇 腎肾 膩腻 膿脓 臍脐 "
    "臟脏 臘腊 臺台 舖铺 茲兹 萊莱 莢荚 蔔卜 蔥葱 蕎荞 蕭萧 薔蔷 藹蔼 蘊蕴 蘆芦 虛虚 "
    "虜虏 螻蝼 襖袄 襪袜 褲裤 覓觅 貳贰 賂赂 賄贿 賊贼 賦赋 賺赚 贓赃 贖赎 蹤踪 踐践 "
    "軀躯 躊踌 踴踊 輿舆 轄辖 轎轿 軋轧 適适 遜逊 鄒邹 醜丑 鍬锹 陰阴 陽阳 陣阵 陳陈 "
    "陸陆 陝陕 隕陨 雛雏 靂雳 靜静 鞏巩 韌韧 骯肮 髒脏 鬢鬓 鬍胡 齣出 龔龚 鹵卤 滷卤 "
    "鹹咸 鹼碱 牆墙 獃呆 佈布 傢家 倖幸 併并 唸念 噁恶 喫吃 慄栗 禦御 禱祷 竈灶 籲吁 "
    "甦苏 癡痴 癥症 瘡疮 瘧疟 矚瞩 穢秽 嘯啸 呂吕 噓嘘 嚐尝 嚥咽 嚕噜 囉啰 喲哟 嘰叽 "
    "嘮唠 痠酸 砲炮 睜睁 颱台 鞦秋 韆千 瑩莹 戲戏 衆众 別别 絕绝 溫温 爲为 衞卫 敎教 "
    "祕秘 産产 眞真 卽即"
).split()
# Round-5 extension (VERDICT r4 "Next round" #2; no network in this
# sandbox, so the Apache-2.0 TSCharacters file itself cannot be
# fetched — these are the same public 简化字总表 mappings authored
# directly): systematic completions of the 金/言/糸/頁/馬/鳥/魚/車/食/
# 門/貝 radical families, the remaining water/fire series, and ~180
# frequent singles and variant traditional forms (續/係/範/準/韻/鬚/
# 豎/贊/擺/捲 …). Same contract: 1:1 per codepoint, validated at
# import, oracle generated from the same merged table.
_T2S_PAIRS_4 = (
    "釗钊 釙钋 釕钌 釷钍 釺钎 釧钏 釤钐 釹钕 鈀钯 鈁钫 鈈钚 鈑钣 鈐钤 鈦钛 鈥钬 鈧钪 "
    "鈮铌 鈰铈 鈸钹 鈹铍 鈺钰 鈿钿 鉈铊 鉉铉 鉍铋 鉕钷 鉞钺 鉦钲 鉬钼 鉭钽 銃铳 銓铨 "
    "銚铫 銥铱 銦铟 銨铵 銩铥 銪铕 銫铯 鋇钡 鋌铤 鋏铗 鋥锃 鋦锔 鋨锇 鋩铓 錁锞 錆锖 "
    "錐锥 錚铮 錛锛 錮锢 鍀锝 鍁锨 鍆钔 鍇锴 鍔锷 鍥锲 鍩锘 鍰锾 鍺锗 鎄锿 鎇镅 鎔镕 "
    "鎘镉 鎚锤 鎣蓥 鎦镏 鎩铩 鎪锼 鎰镒 鎵镓 鎿镎 鏃镞 鏇镟 鏌镆 鏍镙 鏑镝 鏘锵 鏜镗 "
    "鏝镘 鏞镛 鐃铙 鐒铹 鐓镦 鐔镡 鐙镫 鐝镢 鐠镨 鐦锎 鐧锏 鐨镄 鐫镌 鐳镭 鐸铎 鐺铛 "
    "鑊镬 鑌镔 鑔镲 鑣镳 鑠铄 鑥镥 鑭镧 鑾銮 釁衅 "
    "訌讧 訐讦 訕讪 訖讫 託托 訶诃 診诊 註注 詁诂 詘诎 詡诩 詮诠 詰诘 誆诓 誑诳 誒诶 "
    "誚诮 誥诰 諂谄 諍诤 諛谀 諡谥 謚谥 諤谔 諦谛 諫谏 諭谕 諶谌 謅诌 謐谧 謨谟 謫谪 "
    "謳讴 謾谩 譎谲 譙谯 譫谵 讎雠 讕谰 讖谶 "
    "紂纣 紆纡 紇纥 紈纨 紉纫 紓纾 紕纰 紺绀 絀绌 絛绦 絞绞 絢绚 絳绛 綉绣 綵彩 綣绻 "
    "綬绶 綰绾 綸纶 綹绺 綻绽 緇缁 緹缇 縉缙 縊缢 縐绉 縝缜 縞缟 縧绦 縵缦 繅缫 繕缮 "
    "繮缰 繾缱 續续 "
    "頊顼 頜颌 頡颉 頷颔 顓颛 顔颜 顥颢 顰颦 顴颧 "
    "馴驯 駑驽 駒驹 駙驸 駟驷 駢骈 騁骋 騏骐 騖骛 騫骞 驀蓦 驁骜 驃骠 驊骅 驍骁 驥骥 "
    "驪骊 "
    "鳧凫 鴆鸩 鴇鸨 鴣鸪 鵜鹈 鵠鹄 鵪鹌 鶘鹕 鶚鹗 鶩鹜 鶻鹘 鷂鹞 鷓鹧 鷙鸷 鷲鹫 鷸鹬 "
    "鸕鸬 鸛鹳 鸝鹂 鸞鸾 "
    "魴鲂 鮎鲇 鮫鲛 鯀鲧 鯁鲠 鯛鲷 鯡鲱 鯤鲲 鯰鲶 鰍鳅 鰐鳄 鰥鳏 鰾鳔 鱒鳟 鱔鳝 鱘鲟 "
    "軒轩 軛轭 軻轲 軼轶 軾轼 輒辄 輓挽 輜辎 輟辍 輥辊 輦辇 輻辐 輾辗 轂毂 轅辕 轆辘 "
    "轍辙 "
    "飩饨 飭饬 飴饴 餑饽 餛馄 餾馏 餿馊 饃馍 饈馐 饉馑 饌馔 饗飨 饢馕 "
    "閔闵 閡阂 閲阅 閾阈 闈闱 闋阕 闔阖 "
    "貯贮 貶贬 貽贻 賃赁 賈贾 賑赈 賒赊 賜赐 賭赌 贅赘 贊赞 贍赡 贗赝 贛赣 "
    "涇泾 準准 滸浒 漣涟 潁颍 澱淀 濛蒙 濬浚 濰潍 瀘泸 瀨濑 灕漓 汎泛 "
    "煒炜 燁烨 燻熏 燼烬 "
    "儂侬 儕侪 儼俨 僂偻 佇伫 亙亘 凜凛 剮剐 剴剀 卹恤 厠厕 叄叁 噠哒 噯嗳 噹当 嚀咛 "
    "嚶嘤 囂嚣 囪囱 堝埚 堿碱 壠垄 奬奖 姍姗 婭娅 嫗妪 嫵妩 嫻娴 嬈娆 嬋婵 嶗崂 "
    "嶸嵘 巔巅 幗帼 廄厩 廩廪 彞彝 彥彦 徠徕 慟恸 慼戚 懣懑 捫扪 捲卷 摑掴 "
    "擯摈 擷撷 擻擞 擡抬 擺摆 斕斓 曄晔 曇昙 棲栖 楨桢 樅枞 檜桧 櫈凳 櫛栉 櫟栎 欒栾 "
    "殤殇 殫殚 殯殡 氂牦 犛牦 牘牍 牴抵 犢犊 獰狞 獷犷 獺獭 玨珏 琺珐 瑋玮 瑤瑶 璽玺 "
    "甌瓯 甕瓮 痙痉 癆痨 癇痫 癟瘪 癩癞 癬癣 癮瘾 癲癫 皚皑 睞睐 瞼睑 磯矶 礪砺 礫砾 "
    "礬矾 禎祯 禿秃 稟禀 穌稣 窺窥 竅窍 竇窦 箋笺 範范 籟籁 糰团 罌罂 羈羁 聵聩 脛胫 "
    "膾脍 芻刍 菴庵 蒐搜 蓆席 蔭荫 蕓芸 蕪芜 薈荟 薊蓟 薑姜 薺荠 藪薮 藺蔺 蘚藓 蛻蜕 "
    "蝟猬 蟎螨 衊蔑 衕同 裊袅 褻亵 襠裆 覦觎 覬觊 覲觐 覷觑 觴觞 豔艳 貍狸 蹌跄 "
    "蹣蹒 蹺跷 躡蹑 躪躏 輇辁 醞酝 鄲郸 釅酽 隴陇 雋隽 霽霁 靄霭 靚靓 韁缰 韃鞑 韜韬 "
    "韻韵 颯飒 颶飓 颼飕 飆飙 髏髅 鬚须 魘魇 麩麸 麽么 黴霉 鼕冬 鼴鼹 齦龈 齲龋 齷龌 "
    "齪龊 龕龛 鼇鳌 鼈鳖 齧啮 嗆呛 嗇啬 嘍喽 嘖啧 愜惬 愴怆 愾忾 傚效 倣仿 枴拐 槨椁 "
    "遙遥 搖摇 係系 "
    # adversarial-probe gap fill (round 5): both 跡 and 蹟 -> 迹, plus
    # variant forms surfaced by common-word batteries
    "跡迹 蹟迹 糉粽 巖岩 廡庑 氳氲 姪侄 脩修 痲麻"
).split()
_T2S_PAIRS = _T2S_PAIRS + _T2S_PAIRS_2 + _T2S_PAIRS_3 + _T2S_PAIRS_4
assert all(len(p) == 2 and p[0] != p[1] for p in _T2S_PAIRS)
_T2S_TRAD = "".join(p[0] for p in _T2S_PAIRS)
_T2S_SIMP = "".join(p[1] for p in _T2S_PAIRS)
assert len(set(_T2S_TRAD)) == len(_T2S_TRAD) == len(_T2S_SIMP)

# Phrase layer — OpenCC's TSPhrases semantics (longest match wins over
# the char table; chinese_t2s.py:22 inherits this from the t2s
# profile). Two kinds:
#   protective — the char table alone would be WRONG (乾→干 in general,
#     but 乾隆/乾坤 keep 乾; 藉→借 except 狼藉; 瞭→了 except 瞭望);
#   compositional — multi-char conversions whose chars are not in the
#     1:1 table (鞦韆→秋千).
# Applied longest-first. Protection works by shielding the matched
# span behind a private-use placeholder char during the char-level
# translate (inputs containing U+E000.. PUA chars are out of contract).
T2S_PHRASES: list[tuple[str, str]] = [
    ("乾隆", "乾隆"),
    ("乾坤", "乾坤"),
    ("狼藉", "狼藉"),
    ("慰藉", "慰藉"),
    ("瞭望", "瞭望"),
    ("鞦韆", "秋千"),
    # compositional: the char table alone yields 甚么, OpenCC gives 什么
    ("甚麼", "什么"),
    # compositional: 彷->仿 only inside 彷彿 (彷徨 keeps 彷); 彿->佛 is
    # in the char table for the standalone case
    ("彷彿", "仿佛"),
    # round-5 additions (same two kinds):
    # protective — 藉 stays in 蘊藉 (cf. 狼藉/慰藉 above); 徵 the
    # musical note zhǐ stays in the pentatonic scale while 宮 converts
    ("蘊藉", "蕴藉"),
    ("宮商角徵羽", "宫商角徵羽"),
    # compositional — 瀋 is not in the char table (it stays 瀋 alone,
    # like OpenCC's default), but the city converts as a word
    ("瀋陽", "沈阳"),
    # compositional — 著 defaults to 著 (顯著/執著 keep it; it is NOT
    # in the char table) and converts to 着 only in the zhe/zháo/zhuó
    # word contexts, exactly OpenCC's TSPhrases treatment
    ("著急", "着急"),
    ("著火", "着火"),
    ("著涼", "着凉"),
    ("著陸", "着陆"),
    ("著落", "着落"),
    ("著手", "着手"),
    ("著想", "着想"),
    ("著迷", "着迷"),
    ("沉著", "沉着"),
    ("衣著", "衣着"),
    ("穿著", "穿着"),
]
_PHRASE_ORDER = sorted(
    range(len(T2S_PHRASES)),
    key=lambda i: (-len(T2S_PHRASES[i][0]), T2S_PHRASES[i][0]),
)
_PUA = 0xE000


def t2s(col) -> Column:
    """Traditional -> simplified Chinese (P4, chinese_t2s.py:41-50).

    OpenCC-shaped two-layer conversion, entirely native expressions
    (codegen, no Python): phrases first (longest match, each becomes a
    literal replace into a placeholder), then the 1940-pair char-level
    translate(), then placeholders resolve to their phrase outputs.
    The placeholder pass is what lets a protective phrase KEEP
    traditional chars the char table would otherwise convert.
    """
    out = F.col(col) if isinstance(col, str) else col
    for i in _PHRASE_ORDER:
        out = F.replace(out, F.lit(T2S_PHRASES[i][0]), F.lit(chr(_PUA + i)))
    out = F.translate(out, _T2S_TRAD, _T2S_SIMP)
    for i in _PHRASE_ORDER:
        out = F.replace(out, F.lit(chr(_PUA + i)), F.lit(T2S_PHRASES[i][1]))
    return out


def t2s_sql(expr: str) -> str:
    """The DuckDB-SQL twin of `t2s` over SQL expression `expr` —
    generated from the SAME tables so the oracle can never drift."""
    out = expr
    for i in _PHRASE_ORDER:
        out = f"replace({out}, '{T2S_PHRASES[i][0]}', '{chr(_PUA + i)}')"
    out = f"translate({out}, '{_T2S_TRAD}', '{_T2S_SIMP}')"
    for i in _PHRASE_ORDER:
        out = f"replace({out}, '{chr(_PUA + i)}', '{T2S_PHRASES[i][1]}')"
    return out


# ---- row invariant ---------------------------------------------------------

def content_sha256(col) -> Column:
    """Per-row invariant: sha256 of raw content (north-rule contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


# ---- tokenization ----------------------------------------------------------

def tokens(col) -> Column:
    """All identifier tokens of a code/text blob, in order (array<string>).

    Native `regexp_extract_all` — stays in codegen; the DuckDB oracle
    uses the same RE2-compatible pattern.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)


def ws_token_count(col) -> Column:
    """Whitespace-delimited token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def bpe_ish_token_count(col) -> Column:
    """BPE-flavored token count: words + digits runs + punctuation singles.

    Approximates subword tokenizer output size with a pure regex —
    good enough for corpus budgeting at scale.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0))


# ---- language id (n-gram/stopword heuristic) -------------------------------

_EN_STOP = r"(?i)\b(the|and|of|to|in|is|was|for|with|that)\b"
_DE_STOP = r"(?i)\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b"
_FR_STOP = r"(?i)\b(le|la|les|et|est|une|des|dans|pour|que)\b"
_ES_STOP = r"(?i)\b(el|los|las|es|una|para|con|por|del|como)\b"


def lang_id(col) -> Column:
    """Heuristic language id via stopword hit counts + CJK ratio.

    Deterministic, SQL-expressible (the DuckDB oracle mirrors it), and
    entirely JVM-side — the scale path for 100 TB language bucketing.
    """
    c = F.col(col) if isinstance(col, str) else col
    cjk = F.length(cjk_only(c))
    n = F.greatest(F.length(c), F.lit(1))
    en = F.size(F.regexp_extract_all(c, F.lit(_EN_STOP), 0))
    de = F.size(F.regexp_extract_all(c, F.lit(_DE_STOP), 0))
    fr = F.size(F.regexp_extract_all(c, F.lit(_FR_STOP), 0))
    es = F.size(F.regexp_extract_all(c, F.lit(_ES_STOP), 0))
    best = F.greatest(en, de, fr, es)
    return (
        F.when(cjk / n > 0.25, F.lit("zh"))
        .when(best == 0, F.lit("unk"))
        .when(en == best, F.lit("en"))
        .when(de == best, F.lit("de"))
        .when(fr == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


# ---- quality scoring -------------------------------------------------------

def quality_features(col) -> dict[str, Column]:
    """Length / punctuation / stopword / word-length features for filtering.

    Returns named columns; the composite `quality_score` is a simple
    monotone blend in [0,1].
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_words = ws_token_count(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_stop = F.size(F.regexp_extract_all(c, F.lit(_EN_STOP), 0))
    mean_word_len = (n_chars / F.greatest(n_words, F.lit(1))).cast("double")
    punct_ratio = (n_punct / F.greatest(n_chars, F.lit(1))).cast("double")
    stop_ratio = (n_stop / F.greatest(n_words, F.lit(1))).cast("double")
    score = (
        F.when(n_chars < 20, F.lit(0.0))
        .otherwise(
            F.least(F.lit(1.0), n_chars / F.lit(2000.0)) * 0.4
            + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.3).otherwise(0.0)
            + F.when(punct_ratio < 0.2, 0.2).otherwise(0.0)
            + F.least(F.lit(1.0), stop_ratio * 5) * 0.1
        )
        .cast("double")
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "punct_ratio": F.round(punct_ratio, 6),
        "stop_ratio": F.round(stop_ratio, 6),
        "mean_word_len": F.round(mean_word_len, 6),
        "quality_score": F.round(score, 6),
    }


# ---- document fingerprinting ----------------------------------------------

def normalized_text(col) -> Column:
    """Casefold + collapse whitespace — canonical form for dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_md5(col) -> Column:
    """Exact-dup fingerprint: md5 of normalized text (matches DuckDB md5)."""
    return F.md5(normalized_text(col))


def let_bound(expr: Column, fn) -> Column:
    """Evaluate `expr` ONCE per row and pass it to `fn` as a bound
    lambda variable — Spark SQL's only let-binding (PLANS.md rule 7).

    A higher-order-function lambda that references a captured
    EXPRESSION re-evaluates it at every element access, and
    CollapseProject re-inlines pre-projected columns, so neither
    \"compute it inline\" nor \"select it first\" prevents the
    per-element re-run. `transform(array(expr), x -> fn(x))[1]` does:
    the transform's child array is evaluated once, and lambda-variable
    references are cheap reads.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def shingles(col, k: int = 5) -> Column:
    """Word k-gram shingles of normalized text (array<string>).

    The token array is let-bound: referencing the split() expression
    inside the lambda would re-run normalize+split per shingle
    position (rule-7 pathology).
    """
    toks_expr = F.split(normalized_text(col), " ")

    def body(toks):
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))

    return let_bound(toks_expr, body)


def winnow_fingerprint(col, k: int = 5) -> Column:
    """Min-of-shingle-hashes document fingerprint (winnowing-style).

    md5-based so the DuckDB oracle reproduces it bit-for-bit; at scale
    this is one array expression per row, no shuffle, no Python.
    """
    return F.array_min(F.transform(shingles(col, k), F.md5))


# ---------------------------------------------------------------------------
# PII detection / redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax shared verbatim by Java regex (Spark)
# and RE2 (DuckDB oracle): char classes, bounded reps, \b, \d — no
# backrefs or lookaround, so both engines match identical spans.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_counts(col) -> dict[str, Column]:
    """Per-row PII hit counts (pre-redaction) — pure JVM regexp_count,
    stays in whole-stage codegen at any corpus size."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)).cast("long"),
        "n_ips": F.regexp_count(c, F.lit(IPV4_RE)).cast("long"),
        "n_phones": F.regexp_count(c, F.lit(PHONE_RE)).cast("long"),
    }


def redact_pii(col) -> Column:
    """Replace emails -> <EMAIL>, IPv4 -> <IP>, phones -> <PHONE>.

    Order matters: emails first (their local part could otherwise be
    clipped by the phone pattern), then IPs (dots), then phones. Each
    pass is a native regexp_replace — three chained JVM projections,
    zero Python."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")
